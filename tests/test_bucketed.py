"""Bucketed co-located joins: the write-time shuffle replaces every
read-time Exchange (X1's scale generalization)."""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F
from pyspark.sql.functions import col

from pulsar_spark_spark.sources.bucketed import read_bucketed, save_bucketed


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_shuffles(plan: str) -> int:
    """Count shuffle Exchange nodes in a formatted plan (broadcast
    exchanges print as BroadcastExchange and don't count)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    a = spark.range(10_000).select(
        col("id").alias("k"), (col("id") * 2).alias("va")
    )
    b = spark.range(10_000).select(
        col("id").alias("k"), (col("id") * 3).alias("vb")
    )
    save_bucketed(a, "bk_a", "k", n_buckets=8, sort_cols=("k",))
    save_bucketed(b, "bk_b", "k", n_buckets=8, sort_cols=("k",))
    # the fixture tables are tiny, so pin the fact-fact plan shape
    # (broadcast would hide the bucketing benefit being asserted)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "bk_a").join(read_bucketed(spark, "bk_b"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
        # groupBy on the bucket key also skips its shuffle
        agg = read_bucketed(spark, "bk_a").groupBy("k").agg(F.sum("va"))
        assert "Exchange" not in _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_kernel_runs_shuffle_free(spark, tmp_path):
    """A user_id-bucketed layout of the kernel points lets the G1
    dispatch (guard agg + keyset join + Python stage) run with zero
    hash Exchange — and the result is bit-identical to the shuffled
    path."""
    from pulsar_spark_spark.operators.grouped import apply_best_latlng
    from pulsar_spark_spark.plans.kernels import _geo_points
    from pulsar_spark_spark.sources.bucketed import (
        bucketed_scan_pinned,
        save_kernel_points,
    )
    from tests.conftest import SF_DIR_SMALL

    from pulsar_spark_spark.operators.grouped import (
        apply_cluster_score,
        apply_cluster_score_v3,
        apply_trimmed_centroid,
    )

    pts = _geo_points(spark, SF_DIR_SMALL)
    save_kernel_points(pts, "bk_geo_points", n_buckets=8)
    try:
        kernels = (
            apply_best_latlng,
            apply_cluster_score,
            apply_cluster_score_v3,
            apply_trimmed_centroid,
        )
        for kern in kernels:
            with bucketed_scan_pinned(spark):
                bucketed = read_bucketed(spark, "bk_geo_points")
                out = kern(bucketed, pre_partitioned=True)
                plan = _plan(out)
                # broadcast of a tiny keyset is fine; a hash shuffle is not
                assert _n_shuffles(plan) == 0, (kern.__name__, plan)
                got = sorted(map(tuple, out.collect()))
            want = sorted(map(tuple, kern(pts).collect()))
            assert got == want, kern.__name__
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_geo_points")


def test_kernel_layout_enforces_finiteness_at_build(spark, tmp_path):
    """Round 14: save_kernel_points drops null/NaN-coordinate rows at
    layout-build time, so the bucketed serve may pass
    ``assume_finite=True`` (skipping the per-run guard filter) and
    still match the guard-on serve exactly — even when the raw input
    violated the finiteness contract."""
    import math

    from pulsar_spark_spark.operators.grouped import apply_best_latlng
    from pulsar_spark_spark.sources.bucketed import (
        bucketed_scan_pinned,
        save_kernel_points,
    )

    rows = [
        (1, 10, 1000, 12.90, 77.60),
        (1, 11, 2000, 12.91, 77.61),
        (1, 12, 3000, float("nan"), 77.62),  # dropped at build
        (2, 20, 1000, None, 13.00),  # dropped at build
        (2, 21, 2000, 13.01, 80.21),
    ]
    pts = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_ms bigint, lat double, lng double"
    )
    save_kernel_points(pts, "bk_finite_pts", n_buckets=2)
    try:
        stored = spark.table("bk_finite_pts").collect()
        assert len(stored) == 3
        assert all(
            r.lat is not None and not math.isnan(r.lat) for r in stored
        )
        with bucketed_scan_pinned(spark):
            bucketed = read_bucketed(spark, "bk_finite_pts")
            fast = sorted(
                map(
                    tuple,
                    apply_best_latlng(
                        bucketed, pre_partitioned=True, assume_finite=True
                    ).collect(),
                )
            )
            guarded = sorted(
                map(
                    tuple,
                    apply_best_latlng(bucketed, pre_partitioned=True).collect(),
                )
            )
        assert fast == guarded
        # and identical to the guard-on plain path over the RAW input
        want = sorted(map(tuple, apply_best_latlng(pts).collect()))
        assert fast == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_finite_pts")


def test_kernel_shuffles_without_prepartition_control(spark):
    """Control: the default path keeps its explicit repartition, so
    the previous test's no-Exchange assertion is meaningful."""
    from pulsar_spark_spark.operators.grouped import apply_best_latlng
    from pulsar_spark_spark.plans.kernels import _geo_points
    from tests.conftest import SF_DIR_SMALL

    out = apply_best_latlng(_geo_points(spark, SF_DIR_SMALL))
    assert _n_shuffles(_plan(out)) >= 1


def test_unbucketed_join_needs_exchange_control(spark):
    # control: the same join without bucketing DOES shuffle — proves
    # the previous test's assertion is meaningful
    a = spark.range(10_000).select(col("id").alias("k"), (col("id") * 2).alias("va"))
    b = spark.range(10_000).select(col("id").alias("k"), (col("id") * 3).alias("vb"))
    af = a.filter(col("va") % 2 == 0)  # defeat trivial self-join reuse
    plan = _plan(af.join(b, "k"))
    assert "Exchange" in plan or "BroadcastExchange" in plan


def test_upsert_bucketed_merge_values_and_state_side_no_exchange(spark, tmp_path):
    """Round-7 bucketed state sink: values follow the upsert contract
    (new wins >= version; absent keys pass through) and the merge
    plan's STATE side arrives bucket-partitioned — exactly ONE shuffle
    Exchange in the whole merge (the micro-batch side)."""
    from pulsar_spark_spark.sources.bucketed import (
        merge_with_state,
        read_upsert_bucketed,
        upsert_bucketed,
    )

    base = str(tmp_path / "state")
    tb = "t_upsert_bucketed"
    try:
        df1 = spark.range(1000).select(
            col("id").alias("user_id"),
            (col("id") * 2).alias("val"),
            F.lit(0).alias("version"),
        )
        upsert_bucketed(df1, tb, base, "user_id", "version", n_buckets=4)
        got = {
            r["user_id"]: (r["val"], r["version"])
            for r in read_upsert_bucketed(spark, tb, base).collect()
        }
        assert len(got) == 1000 and got[7] == (14, 0)

        # update half the keys at version 1, add new keys
        df2 = spark.range(500, 1200).select(
            col("id").alias("user_id"),
            F.lit(-1).alias("val"),
            F.lit(1).alias("version"),
        )
        # plan pin BEFORE executing: state side (bucketed scan) must
        # not shuffle; batch side must (to the bucket count)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            state = read_upsert_bucketed(spark, tb, base)
            plan = _plan(merge_with_state(state, df2, "user_id", "version"))
            assert _n_shuffles(plan) == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        upsert_bucketed(df2, tb, base, "user_id", "version", n_buckets=4)
        got = {
            r["user_id"]: (r["val"], r["version"])
            for r in read_upsert_bucketed(spark, tb, base).collect()
        }
        assert len(got) == 1200
        assert got[7] == (14, 0)        # untouched key survives
        assert got[600] == (-1, 1)      # updated key took the new row
        assert got[1100] == (-1, 1)     # fresh key inserted
        # replay idempotence: same batch again -> identical state
        upsert_bucketed(df2, tb, base, "user_id", "version", n_buckets=4)
        again = {
            r["user_id"]: (r["val"], r["version"])
            for r in read_upsert_bucketed(spark, tb, base).collect()
        }
        assert again == got
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rescore_stream_bucketed_state_matches_plain(spark, tmp_path):
    """The bucketed-state flagship stream must produce the same final
    records as the plain-sink run over the same arrivals."""
    import os

    from pulsar_spark_spark.functions.time import ts_millis
    from pulsar_spark_spark.plans.geo import geo_events
    from pulsar_spark_spark.sources.bucketed import read_upsert_bucketed
    from pulsar_spark_spark.sources.sinks import read_upsert_table
    from pulsar_spark_spark.streaming.pipeline import run_geotag_rescore_stream
    from tests.conftest import SF_DIR_SMALL

    pts = geo_events(spark, SF_DIR_SMALL).select(
        "user_id", "event_id", ts_millis("ts").alias("ts_ms"),
        "lat", "lng", "accuracy",
    )
    src = str(tmp_path / "in")
    pts.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(tag, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_geotag_rescore_stream(
            stream,
            str(tmp_path / f"state_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            **kw,
        )
        assert q.awaitTermination(300)

    tb = "t_rescore_bucketed_state"
    try:
        run("plain", state_table=None)
        run("bucketed", state_table=tb, n_buckets=4)
        plain = {
            r["user_id"]: (r["best_lat"], r["best_lng"], len(r["history"]))
            for r in read_upsert_table(
                spark, str(tmp_path / "state_plain")
            ).collect()
        }
        bucketed = {
            r["user_id"]: (r["best_lat"], r["best_lng"], len(r["history"]))
            for r in read_upsert_bucketed(
                spark, tb, str(tmp_path / "state_bucketed")
            ).collect()
        }
        assert bucketed == plain and plain
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_upsert_bucketed_composite_key(spark, tmp_path):
    """Composite-key state: merge joins on BOTH key columns, the
    bucketed state side still carries no Exchange, and the ingest
    dedup stream's bucketed variant matches the plain sink."""
    import os

    from pulsar_spark_spark.sources.bucketed import (
        merge_with_state,
        read_upsert_bucketed,
        upsert_bucketed,
    )

    base = str(tmp_path / "state")
    tb = "t_upsert_bucketed_composite"
    try:
        df1 = spark.range(200).select(
            (col("id") % 50).alias("user_id"),
            (col("id") / 50).cast("long").alias("event_type"),
            col("id").alias("payload"),
            F.lit(0).alias("version"),
        )  # (id%50, id//50) is unique by construction — no dedup shuffle
        upsert_bucketed(
            df1, tb, base, ["user_id", "event_type"], "version", n_buckets=4
        )
        df2 = spark.range(40).select(
            (col("id") % 10).alias("user_id"),
            (col("id") / 10).cast("long").alias("event_type"),
            F.lit(-1).alias("payload"),
            F.lit(5).alias("version"),
        )  # unique (id%10, id//10) pairs
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            state = read_upsert_bucketed(spark, tb, base)
            plan = _plan(
                merge_with_state(state, df2, ["user_id", "event_type"], "version")
            )
            assert _n_shuffles(plan) == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        upsert_bucketed(
            df2, tb, base, ["user_id", "event_type"], "version", n_buckets=4
        )
        got = {
            (r["user_id"], r["event_type"]): (r["payload"], r["version"])
            for r in read_upsert_bucketed(spark, tb, base).collect()
        }
        updated = {(r["user_id"], r["event_type"]) for r in df2.collect()}
        assert got[(5, 1)] == (-1, 5)            # updated pair
        assert all(got[k] == (-1, 5) for k in updated)
        assert any(v[1] == 0 for v in got.values())  # untouched rows survive
        assert len(got) == 200
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_stream_bucketed_state_matches_plain(spark, tmp_path):
    from pulsar_spark_spark.sources.bucketed import read_upsert_bucketed
    from pulsar_spark_spark.sources.sinks import read_upsert_table
    from pulsar_spark_spark.sources.tables import load_table
    from pulsar_spark_spark.streaming.pipeline import (
        run_dedup_upsert_stream,
        stream_events,
    )
    from tests.conftest import SF_DIR_SMALL

    ev = load_table(spark, "events", SF_DIR_SMALL)
    src = str(tmp_path / "in")
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(tag, **kw):
        q = run_dedup_upsert_stream(
            stream_events(spark, src, schema, max_files_per_trigger=2),
            str(tmp_path / f"state_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            **kw,
        )
        assert q.awaitTermination(300)

    tb = "t_dedup_bucketed_state"
    try:
        run("plain")
        run("bucketed", state_table=tb, n_buckets=4)
        key = lambda r: (r["user_id"], r["event_type"])
        plain = {
            key(r): (r["event_id"], r["version"])
            for r in read_upsert_table(spark, str(tmp_path / "state_plain")).collect()
        }
        bucketed = {
            key(r): (r["event_id"], r["version"])
            for r in read_upsert_bucketed(
                spark, tb, str(tmp_path / "state_bucketed")
            ).collect()
        }
        assert bucketed == plain and plain
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_merge_with_state_rejects_column_drift(spark):
    """A column present in the durable state but missing from the
    batch must be a hard error, never a silent drop."""
    import pytest as _pytest

    from pulsar_spark_spark.sources.bucketed import merge_with_state

    state = spark.createDataFrame(
        [(1, 10, 5, "x")], "k long, v long, version long, extra string"
    )
    batch = spark.createDataFrame([(1, 11, 6)], "k long, v long, version long")
    with _pytest.raises(ValueError, match="column mismatch"):
        merge_with_state(state, batch, "k", "version").collect()


def test_read_upsert_bucketed_survives_catalog_loss(spark, tmp_path):
    """Cross-session restart: the default in-memory catalog loses the
    table definitions while the data + pointer persist. The reader
    must fall back to a path read, and the next upsert must re-catalog
    (self-heal) — the bucketed-by-default rescore stream depends on
    this to restart in a fresh session."""
    from pulsar_spark_spark.sources.bucketed import (
        read_upsert_bucketed,
        upsert_bucketed,
    )

    base = str(tmp_path / "state")
    tb = "t_catalog_loss"
    try:
        df1 = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(0).alias("version"),
        )
        upsert_bucketed(df1, tb, base, "k", "version", n_buckets=4)
        # simulate a fresh session: drop the catalog entries (EXTERNAL
        # tables — data stays on disk)
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        got = {r["k"]: r["v"] for r in read_upsert_bucketed(spark, tb, base).collect()}
        assert len(got) == 100 and got[7] == 14
        # next upsert merges from the path fallback and re-catalogs
        df2 = spark.range(50).select(
            F.col("id").alias("k"), F.lit(-1).alias("v"),
            F.lit(1).alias("version"),
        )
        upsert_bucketed(df2, tb, base, "k", "version", n_buckets=4)
        got = {r["k"]: r["v"] for r in read_upsert_bucketed(spark, tb, base).collect()}
        assert len(got) == 100 and got[7] == -1 and got[70] == 140
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_log_latest_wins_and_replay_absorbed(spark, tmp_path):
    """MOR log semantics: highest version wins per key, a replayed
    (duplicate) segment changes nothing, ties go to the later
    segment, and a catalog loss falls back to path reads."""
    from pulsar_spark_spark.sources.bucketed import (
        append_log_bucketed,
        read_log_bucketed,
    )

    base = str(tmp_path / "log")
    tb = "t_append_log"
    try:
        b0 = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, version long"
        )
        b1 = spark.createDataFrame(
            [(2, "B", 1), (3, "c", 1)], "k long, v string, version long"
        )
        append_log_bucketed(b0, tb, base, "k", "version", n_buckets=2)
        append_log_bucketed(b1, tb, base, "k", "version", n_buckets=2)
        got = {r["k"]: (r["v"], r["version"]) for r in read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()}
        assert got == {1: ("a", 0), 2: ("B", 1), 3: ("c", 1)}
        # replay of b1: duplicates absorbed
        append_log_bucketed(b1, tb, base, "k", "version", n_buckets=2)
        again = {r["k"]: (r["v"], r["version"]) for r in read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()}
        assert again == got
        # same-version tie: the later segment wins
        b1fix = spark.createDataFrame([(3, "C", 1)], "k long, v string, version long")
        append_log_bucketed(b1fix, tb, base, "k", "version", n_buckets=2)
        assert {
            r["k"]: r["v"]
            for r in read_log_bucketed(spark, tb, base, "k", "version").collect()
        }[3] == "C"
        # catalog loss: path fallback
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
        assert read_log_bucketed(spark, tb, base, "k", "version").count() == 3
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_log_preserves_state_and_drops_segments(spark, tmp_path):
    """Compaction must serve the identical latest-wins relation from
    ONE segment and delete the superseded ones."""
    import os

    from pulsar_spark_spark.sources.bucketed import (
        append_log_bucketed,
        compact_log,
        read_log_bucketed,
    )

    base = str(tmp_path / "log")
    tb = "t_compact_log"
    try:
        for v in range(4):
            b = spark.createDataFrame(
                [(k, f"v{v}", v) for k in range(v, v + 3)],
                "k long, v string, version long",
            )
            append_log_bucketed(b, tb, base, "k", "version", n_buckets=2)
        want = sorted(map(tuple, read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()))
        compact_log(spark, tb, base, "k", "version", n_buckets=2)
        got = sorted(map(tuple, read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()))
        assert got == want
        segs = [d for d in os.listdir(base) if d.startswith("log_")]
        assert len(segs) == 1  # superseded segments swept
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_log_auto_compacts_at_threshold(spark, tmp_path):
    """LSM trigger: once the manifest reaches auto_compact_segments,
    the append folds the log inline — a 20-shard ingest never leaves
    more than threshold segments for readers to merge, and the served
    relation is unchanged."""
    import os

    from pulsar_spark_spark.sources.bucketed import (
        _read_manifest,
        append_log_bucketed,
        read_log_bucketed,
    )

    base = str(tmp_path / "log")
    tb = "t_autocompact_log"
    try:
        for v in range(20):
            b = spark.createDataFrame(
                [(v % 5, f"v{v}", v)], "k long, v string, version long"
            )
            append_log_bucketed(
                b, tb, base, "k", "version", n_buckets=2,
                auto_compact_segments=4,
            )
            assert len(_read_manifest(base)) <= 4
        got = {r["k"]: r["v"] for r in read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()}
        assert got == {0: "v15", 1: "v16", 2: "v17", 3: "v18", 4: "v19"}
        # swept down to the segments the manifest still lists
        live = set(_read_manifest(base))
        on_disk = {d for d in os.listdir(base) if d.startswith("log_")}
        assert on_disk == live
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_log_keeps_segment_appended_during_compaction(spark, tmp_path):
    """The lost-append window: a shard committed between compaction's
    manifest snapshot and its manifest install must survive in the
    manifest (ordered AFTER the compacted segment, so its rows win
    ties). Simulated by injecting an append right after compaction
    writes its merged segment, via a save_bucketed hook."""
    import pulsar_spark_spark.sources.bucketed as B

    base = str(tmp_path / "log")
    tb = "t_race_log"
    real_save = B.save_bucketed
    state = {"fired": False}

    def hooked(df, table, key, n_buckets=16, sort_cols=(), path=None):
        real_save(df, table, key, n_buckets, sort_cols, path)
        if not state["fired"]:
            state["fired"] = True  # before the re-entrant append
            late = spark.createDataFrame(
                [(9, "late", 9)], "k long, v string, version long"
            )
            B.append_log_bucketed(
                late, tb, base, "k", "version", n_buckets=2,
                auto_compact_segments=None,
            )

    try:
        for v in range(3):
            b = spark.createDataFrame(
                [(v, f"v{v}", v)], "k long, v string, version long"
            )
            B.append_log_bucketed(
                b, tb, base, "k", "version", n_buckets=2,
                auto_compact_segments=None,
            )
        B.save_bucketed = hooked
        try:
            B.compact_log(spark, tb, base, "k", "version", n_buckets=2)
        finally:
            B.save_bucketed = real_save
        assert state["fired"]
        manifest = B._read_manifest(base)
        assert len(manifest) == 2  # compacted + the late segment
        got = {r["k"]: r["v"] for r in B.read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()}
        assert got == {0: "v0", 1: "v1", 2: "v2", 9: "late"}
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_refinement_bucketed_arm_parity_and_no_shuffle(
    spark, tmp_path, monkeypatch
):
    """Round 11: the refinement pipeline's bucketed serve arm returns
    bit-identical rows to the committed plain plan, and its physical
    plan carries ZERO shuffle Exchanges (the per-run user_id join
    shuffle and the kernel's delivery_id shuffle both moved to layout
    write time; only an AQE broadcast of the small side may remain)."""
    from pulsar_spark_spark.plans.kernels import (
        _refinement_input,
        _refinement_results,
        ensure_refinement_layout,
    )
    from pulsar_spark_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    table = ensure_refinement_layout(spark, sf)
    try:
        for q in ("delivery_refinement", "delivery_refined_history"):
            monkeypatch.setenv("SPARK_GRAFT_REFINE_ARM", "plain")
            plain = [tuple(r) for r in QUERIES[q](spark, sf).collect()]
            monkeypatch.setenv("SPARK_GRAFT_REFINE_ARM", "bucketed")
            bucketed = [tuple(r) for r in QUERIES[q](spark, sf).collect()]
            assert plain == bucketed, q
            assert len(plain) > 0, q
        monkeypatch.setenv("SPARK_GRAFT_REFINE_ARM", "bucketed")
        pts, from_layout = _refinement_input(spark, sf)
        assert from_layout
        res = _refinement_results(
            spark, sf, pts=pts, pre_partitioned=from_layout
        )
        plan = _plan(res)
        assert _n_shuffles(plan) == 0, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_refinement_arm_routing(spark, tmp_path, monkeypatch):
    """'auto' keeps every gate/bench corpus on the committed plain
    plan (events rows <= floor); explicit arms override; an unknown
    arm raises."""
    import pytest

    from pulsar_spark_spark.plans.kernels import (
        _REFINE_LAYOUT_FLOOR_ROWS,
        _events_rows,
        _refinement_input,
    )

    sf = "/root/testdata/sf0.001"
    assert _events_rows(sf) <= _REFINE_LAYOUT_FLOOR_ROWS
    monkeypatch.delenv("SPARK_GRAFT_REFINE_ARM", raising=False)
    _pts, from_layout = _refinement_input(spark, sf)
    assert not from_layout
    monkeypatch.setenv("SPARK_GRAFT_REFINE_ARM", "nope")
    with pytest.raises(ValueError, match="SPARK_GRAFT_REFINE_ARM"):
        _refinement_input(spark, sf)


def test_geotag_bucketed_arm_parity_and_state_no_exchange(
    spark, tmp_path, monkeypatch
):
    """Round 12: the history-merge serve arm (deduped state bucketed
    by user_id + full-outer first-occurrence join) returns the same
    row set as the committed plain plan, and the STATE side of the
    merge carries no Exchange — the raw corpus never re-shuffles; the
    only shuffles left are the small batch repartition, the merged
    UNIQUES for the cap window, and the presentation sort."""
    import re

    from pulsar_spark_spark.plans import QUERIES
    from pulsar_spark_spark.plans.geo import (
        _geotag_merge_from_layout,
        ensure_geotag_state_layout,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    table = ensure_geotag_state_layout(spark, sf)
    try:
        monkeypatch.setenv("SPARK_GRAFT_GEOTAG_ARM", "plain")
        plain = QUERIES["geotag_history_merge"](spark, sf).collect()
        monkeypatch.setenv("SPARK_GRAFT_GEOTAG_ARM", "bucketed")
        bucketed = QUERIES["geotag_history_merge"](spark, sf).collect()
        key = lambda r: (r["user_id"], r["ts"], r["event_id"])  # noqa: E731
        assert sorted(map(tuple, plain), key=lambda t: (t[0], t[2], t[1])) \
            == sorted(map(tuple, bucketed), key=lambda t: (t[0], t[2], t[1]))
        assert len(plain) > 0
        plan = _plan(_geotag_merge_from_layout(spark, sf))
        # exactly three shuffles, none feeding from the bucketed scan:
        # batch repartition + cap window (both user_id) + final range
        assert _n_shuffles(plan) == 3, plan
        hashes = re.findall(r"hashpartitioning\((\w+)", plan)
        assert all(h.startswith("user_id") for h in hashes), hashes
        # the state scan's subtree (the SMJ's left child — the lines
        # drawn with ':' connectors under the join) must not contain
        # an Exchange: the bucketed scan feeds the join via a local
        # Sort/Project only
        tree = plan.split("(1) Scan")[0]
        smj = tree.index("SortMergeJoin FullOuter")
        left = [
            ln
            for ln in tree[smj:].splitlines()
            if ln.lstrip().startswith(":")
        ]
        assert left and "geotag_state" in "\n".join(left), tree
        assert not any("Exchange" in ln for ln in left), tree
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_geotag_arms_drop_null_event_type(spark, tmp_path, monkeypatch):
    """A NULL ``event_type`` row belongs to neither union input (state
    is != 'purchase', batch is == 'purchase'), so the plain arm, the
    bucketed arm and the DuckDB oracle all leave it out of
    geotag_history_merge."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pulsar_spark_spark.plans import ORACLES, QUERIES
    from pulsar_spark_spark.plans.geo import ensure_geotag_state_layout

    sf = tmp_path / "sf"
    sf.mkdir()
    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    null_rows = pa.array([i % 7 == 0 for i in range(ev.num_rows)])
    ev = ev.set_column(
        ev.schema.get_field_index("event_type"),
        "event_type",
        pc.if_else(null_rows, pa.scalar(None, pa.string()), ev["event_type"]),
    )
    pq.write_table(ev, sf / "events.parquet")
    null_ids = set(pc.filter(ev["event_id"], null_rows).to_pylist())
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "idx"))

    def rows(arm):
        monkeypatch.setenv("SPARK_GRAFT_GEOTAG_ARM", arm)
        return sorted(
            (r["user_id"], r["event_id"], round(r["lat"], 9),
             round(r["lng"], 9), r["accuracy"])
            for r in QUERIES["geotag_history_merge"](spark, str(sf)).collect()
        )

    table = ensure_geotag_state_layout(spark, str(sf))
    try:
        plain, bucketed = rows("plain"), rows("bucketed")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf / 'events.parquet'}'")
    oracle = sorted(
        (r[0], r[1], round(r[2], 9), round(r[3], 9), r[4])
        for r in con.execute(
            "SELECT user_id, event_id, lat, lng, accuracy FROM ("
            + ORACLES["geotag_history_merge"]
            + ")"
        ).fetchall()
    )
    assert plain and not null_ids & {r[1] for r in plain}
    assert plain == bucketed == oracle


def test_geotag_arm_routing(spark, monkeypatch):
    """'auto' keeps every gate/bench corpus on the committed plain
    plan; an unknown arm raises."""
    import pytest

    from pulsar_spark_spark.plans import QUERIES
    from pulsar_spark_spark.plans.geo import (
        _GEOTAG_LAYOUT_FLOOR_ROWS,
    )
    from pulsar_spark_spark.plans.kernels import _events_rows

    sf = "/root/testdata/sf0.001"
    assert _events_rows(sf) <= _GEOTAG_LAYOUT_FLOOR_ROWS
    monkeypatch.setenv("SPARK_GRAFT_GEOTAG_ARM", "nope")
    with pytest.raises(ValueError, match="SPARK_GRAFT_GEOTAG_ARM"):
        QUERIES["geotag_history_merge"](spark, sf)


def test_ensure_index_fingerprints_named_source(tmp_path):
    """Round 13 ADVICE high: an index built from events must be keyed
    by the EVENTS files' (size, mtime) — regenerating events.parquet
    in place rebuilds it, and a partial fixture dir with no
    embeddings.parquet must not yield an empty never-changing
    fingerprint."""
    import os

    from pulsar_spark_spark.plans.similarity import (
        _ensure_index,
        _source_fingerprint,
    )

    fix = tmp_path / "fixture"
    fix.mkdir()
    ev = fix / "events.parquet"
    ev.write_bytes(b"not-really-parquet")
    # the r12 trap: the default (embeddings) fingerprint of this dir
    # is empty and never changes; the events fingerprint is real
    assert _source_fingerprint(str(fix)) == {}
    assert _source_fingerprint(str(fix), "events")

    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)

    root = str(tmp_path / "idx")
    args = ("evt_idx", str(fix), {"v": 1}, build)
    _ensure_index(*args, index_root=root, source_table="events")
    assert len(calls) == 1
    _ensure_index(*args, index_root=root, source_table="events")
    assert len(calls) == 1  # unchanged source → cached
    os.utime(ev, ns=(12345, 12345))
    _ensure_index(*args, index_root=root, source_table="events")
    assert len(calls) == 2  # regenerated events → rebuilt


def test_event_layouts_fingerprint_events_files(spark, tmp_path, monkeypatch):
    """The two events-sourced layout caches (geotag state, refinement
    points) write a _SOURCE.json naming the events table and at least
    one events file — the staleness key actually covers their input
    (round 13 ADVICE high)."""
    import json
    import os

    from pulsar_spark_spark.plans.geo import ensure_geotag_state_layout
    from pulsar_spark_spark.plans.kernels import ensure_refinement_layout

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    for ensure, prefix in (
        (ensure_geotag_state_layout, "geotag_state"),
        (ensure_refinement_layout, "refine_pts"),
    ):
        table = ensure(spark, sf)
        try:
            dirs = [
                d
                for d in os.listdir(tmp_path)
                if d.startswith(prefix) and ".tmp." not in d
            ]
            assert len(dirs) == 1, dirs
            with open(tmp_path / dirs[0] / "_SOURCE.json") as fh:
                meta = json.load(fh)
            assert meta["source_table"] == "events"
            assert meta["files"], meta  # non-empty fingerprint
            assert all("events" in k or k.endswith(".parquet")
                       for k in meta["files"]), meta["files"]
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_log_skips_when_concurrent_compactor_holds_lock(
    spark, tmp_path
):
    """Round 14 review fix: two auto-compact triggers crossing the
    threshold together must not both fold — the loser would rmtree
    segments the winner's merge job is still reading, failing an
    append AFTER its segment was durably committed. The second
    compactor returns False immediately instead."""
    import fcntl
    import os

    from pulsar_spark_spark.sources.bucketed import (
        _read_manifest,
        append_log_bucketed,
        compact_log,
    )

    base = str(tmp_path / "log")
    tb = "t_compact_excl"
    try:
        for v in range(2):
            b = spark.createDataFrame(
                [(k, f"v{v}", v) for k in range(3)],
                "k long, v string, version long",
            )
            append_log_bucketed(b, tb, base, "k", "version", n_buckets=2)
        before = _read_manifest(base)
        fd = os.open(
            os.path.join(base, ".compact.lock"), os.O_CREAT | os.O_RDWR
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            assert (
                compact_log(spark, tb, base, "k", "version", n_buckets=2)
                is False
            )
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        assert _read_manifest(base) == before  # nothing folded
        assert compact_log(spark, tb, base, "k", "version", n_buckets=2)
        assert len(_read_manifest(base)) == 1
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_log_reaps_aged_orphans(spark, tmp_path):
    """Round 14 review fix: segments referenced by NO manifest (a
    crashed append or a crashed compactor's never-installed fold)
    are swept by the next compaction once older than the grace
    period; fresh orphans — possibly an appender mid write-then-
    commit — survive."""
    import os
    import time

    from pulsar_spark_spark.sources.bucketed import (
        append_log_bucketed,
        compact_log,
        read_log_bucketed,
    )

    base = str(tmp_path / "log")
    tb = "t_compact_orphan"
    try:
        for v in range(2):
            b = spark.createDataFrame(
                [(k, f"v{v}", v) for k in range(3)],
                "k long, v string, version long",
            )
            append_log_bucketed(b, tb, base, "k", "version", n_buckets=2)
        aged = os.path.join(base, "log_orphan_aged")
        fresh = os.path.join(base, "log_orphan_fresh")
        os.makedirs(aged)
        os.makedirs(fresh)
        old = time.time() - 7200
        os.utime(aged, (old, old))
        want = sorted(map(tuple, read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()))
        assert compact_log(
            spark, tb, base, "k", "version", n_buckets=2,
            orphan_grace_sec=3600,
        )
        assert not os.path.exists(aged)
        assert os.path.exists(fresh)
        got = sorted(map(tuple, read_log_bucketed(
            spark, tb, base, "k", "version"
        ).collect()))
        assert got == want
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(tb):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_merge_with_state_null_version_rows(spark):
    """Round 14 review fix: side presence in the upsert merge is
    detected by markers, not by the user's version column — a batch
    row with a NULL version lands INTACT on a new key (it used to
    persist as an all-NULL row) and loses to the state on an existing
    key (no ordering can be established against it; it used to be
    silently identical, but for the wrong reason)."""
    from pulsar_spark_spark.sources.bucketed import merge_with_state

    state = spark.createDataFrame(
        [(1, "s1", 5)], "k long, v string, version long"
    )
    batch = spark.createDataFrame(
        [(1, "n1", None), (2, "n2", None), (3, "n3", 7)],
        "k long, v string, version long",
    )
    got = {
        r["k"]: (r["v"], r["version"])
        for r in merge_with_state(state, batch, "k", "version").collect()
    }
    assert got == {
        1: ("s1", 5),      # NULL-version batch row loses to state
        2: ("n2", None),   # new key lands intact, NOT all-NULL
        3: ("n3", 7),      # plain new key
    }
