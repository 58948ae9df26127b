"""End-to-end test of the flagship streaming composition: point
stream → history merge → G1 re-score → keyed upsert
(run_geotag_rescore_stream — the StreamingAppV3 analog).

Expected state is computed by an incremental pure-Python fold that
mirrors the reference's per-batch record rebuild (merge with
duplicate-triple drop + newest-cap, then re-score), applied chunk by
chunk — the STREAMING semantics, which a restart mid-sequence must
not disturb.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pulsar_spark_spark.sources.sinks import read_upsert_table
from pulsar_spark_spark.streaming.pipeline import run_geotag_rescore_stream
from tests import geo_oracle

SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_ms", LongType()),
        StructField("lat", DoubleType()),
        StructField("lng", DoubleType()),
        StructField("accuracy", DoubleType()),
    ]
)

CAP = 10  # small cap so the test exercises it with few rows


def _chunks():
    """Three arrival chunks; user 1 = scorable cluster + duplicate
    triple arriving again later; user 2 = guard group (n<4 → last
    point); user 3 = overflows the cap."""
    c1 = [
        # user 1: 4 clustered points (~55 m apart) + 1 far outlier
        (1, 101, 1_000, 10.0000, 20.0000, 30.0),
        (1, 102, 2_000, 10.0005, 20.0000, 30.0),
        (1, 103, 3_000, 10.0000, 20.0005, 30.0),
        (1, 104, 4_000, 10.0005, 20.0005, 30.0),
        (1, 105, 5_000, 11.0000, 21.0000, 30.0),
        # user 2: one point
        (2, 201, 1_000, 12.0, 22.0, 10.0),
    ]
    c2 = [
        # duplicate triple of event 101 (same lat/lng/accuracy, later
        # ts) — the merge must keep the FIRST occurrence only
        (1, 106, 6_000, 10.0000, 20.0000, 30.0),
        (2, 202, 2_000, 12.5, 22.5, 10.0),
        # user 3: 8 points
        *[(3, 300 + i, 1_000 * i, 13.0 + i * 1e-4, 23.0, 5.0) for i in range(8)],
    ]
    c3 = [
        # user 3: 6 more points → 14 distinct, cap keeps newest 10
        *[(3, 400 + i, 100_000 + 1_000 * i, 13.5 + i * 1e-4, 23.5, 5.0) for i in range(6)],
    ]
    return [c1, c2, c3]


def _fold(chunks, cap=CAP):
    """The reference's incremental record rebuild, chunk by chunk."""
    state: dict[int, list[tuple]] = {}  # user -> [(ts, eid, lat, lng, acc)]
    for chunk in chunks:
        touched = {r[0] for r in chunk}
        for u in touched:
            pts = list(state.get(u, [])) + [
                (r[2], r[1], r[3], r[4], r[5]) for r in chunk if r[0] == u
            ]
            # duplicate-triple drop, first occurrence by (ts, eid)
            pts.sort(key=lambda p: (p[0], p[1]))
            seen = set()
            kept = []
            for p in pts:
                triple = (p[2], p[3], p[4])
                if triple in seen:
                    continue
                seen.add(triple)
                kept.append(p)
            # newest cap
            kept.sort(key=lambda p: (p[0], p[1]))
            state[u] = kept[-cap:]
    out = {}
    for u, pts in state.items():
        n = len(pts)
        if n < 4 or n > 500:
            best = (pts[-1][2], pts[-1][3])
        else:
            best = geo_oracle.best_lat_lng_oracle([(p[2], p[3]) for p in pts])
        out[u] = (best[0], best[1], n, pts)
    return out


def _write_chunk(spark, rows, src_dir, tag):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    _ = tag


def test_geotag_rescore_stream_with_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()

    def drain():
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        # bucketed_min_bytes=0 pins the BUCKETED arm (the round-9 size
        # gate would route toy-scale state to the plain sink), so T7
        # restart coverage stays on the catalog-table path
        q = run_geotag_rescore_stream(
            stream, state, ckpt, history_cap=CAP, bucketed_min_bytes=0
        )
        assert q.awaitTermination(120)

    # phase 1: chunks 1+2 arrive, stream drains, STOPS (availableNow)
    _write_chunk(spark, chunks[0], src, "c1")
    _write_chunk(spark, chunks[1], src, "c2")
    drain()
    # phase 2: restart from the same checkpoint for chunk 3 (T7)
    _write_chunk(spark, chunks[2], src, "c3")
    drain()

    want = _fold(chunks)
    got = {
        r["user_id"]: r
        for r in read_upsert_table(spark, state).collect()
    }
    assert set(got) == set(want)
    for u, (blat, blng, n, pts) in want.items():
        r = got[u]
        assert r["n_points"] == n, f"user {u}"
        assert r["best_lat"] == pytest.approx(blat, abs=1e-12), f"user {u}"
        assert r["best_lng"] == pytest.approx(blng, abs=1e-12), f"user {u}"
        hist = [
            (h["ts_ms"], h["event_id"], h["lat"], h["lng"], h["accuracy"])
            for h in r["history"]
        ]
        assert hist == sorted(pts, key=lambda p: (p[0], p[1])), f"user {u}"


def test_geotag_rescore_replay_is_idempotent(spark, tmp_path):
    """Re-running the drained stream with a FRESH checkpoint replays
    every batch against existing state; records must not change
    (version ties → new rows win → identical content)."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()
    for i, c in enumerate(chunks):
        _write_chunk(spark, c, src, f"c{i}")

    def drain(ckpt):
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = run_geotag_rescore_stream(
            stream, state, str(tmp_path / ckpt), history_cap=CAP
        )
        assert q.awaitTermination(120)

    drain("ckpt1")
    first = {
        r["user_id"]: r.asDict(recursive=True)
        for r in read_upsert_table(spark, state).collect()
    }
    drain("ckpt2")  # full replay
    second = {
        r["user_id"]: r.asDict(recursive=True)
        for r in read_upsert_table(spark, state).collect()
    }
    assert first == second


def test_rescore_auto_state_gate_and_upgrade(spark, tmp_path):
    """Round-9 size gate on the 'auto' default: below
    bucketed_min_bytes the stream uses the plain versioned-parquet
    sink (no per-batch catalog DDL at toy scale — the measured
    fixture tax); lowering the gate on the SAME state path upgrades
    it in place to the bucketed catalog table (path-fallback read →
    bucketed commit), records identical throughout."""
    from pulsar_spark_spark.streaming.pipeline import _derived_state_table

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()
    derived = _derived_state_table(state)

    def drain(ckpt, **kw):
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = run_geotag_rescore_stream(
            stream, state, str(tmp_path / ckpt), history_cap=CAP, **kw
        )
        assert q.awaitTermination(120)

    try:
        _write_chunk(spark, chunks[0], src, "c1")
        _write_chunk(spark, chunks[1], src, "c2")
        drain("ckpt1")  # default gate: MBs of state → plain arm
        assert not spark.catalog.tableExists(derived)

        # lower the gate: next batches upgrade the same path in place
        _write_chunk(spark, chunks[2], src, "c3")
        drain("ckpt1", bucketed_min_bytes=1)
        assert any(
            r["tableName"].startswith(derived)
            for r in spark.sql("SHOW TABLES").collect()
        )

        want = _fold(chunks)
        got = {
            r["user_id"]: r for r in read_upsert_table(spark, state).collect()
        }
        assert set(got) == set(want)
        for u, (blat, blng, n, pts) in want.items():
            assert got[u]["n_points"] == n
            assert got[u]["best_lat"] == pytest.approx(blat, abs=1e-12)
            assert got[u]["best_lng"] == pytest.approx(blng, abs=1e-12)
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(derived):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rescore_survives_checkpoint_reset_with_source_retention(
    spark, tmp_path
):
    """Round 14 review fix: the rescore upsert version is DATA-derived
    (newest capped point), not the stream's batch_id. The old
    batch_id version silently discarded every update after an ops
    checkpoint reset once source retention had removed the
    already-absorbed files: the fresh stream's batch ids restart at 0
    below the stored version, the merge loses for every key, and the
    stream runs green while writing nothing."""
    import shutil

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()

    def drain(ckpt):
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = run_geotag_rescore_stream(
            stream, state, str(tmp_path / ckpt), history_cap=CAP,
            bucketed_min_bytes=0,
        )
        assert q.awaitTermination(120)

    # phase 1: chunks 1+2 (two batches) through checkpoint 1
    _write_chunk(spark, chunks[0], src, "c1")
    _write_chunk(spark, chunks[1], src, "c2")
    drain("ckpt1")

    # retention removes absorbed files; ops loses the checkpoint;
    # chunk 3 arrives and drains through a FRESH checkpoint
    shutil.rmtree(src)
    os.makedirs(src, exist_ok=True)
    _write_chunk(spark, chunks[2], src, "c3")
    drain("ckpt2")

    want = _fold(chunks)
    got = {
        r["user_id"]: r for r in read_upsert_table(spark, state).collect()
    }
    # user 3's chunk-3 points must have landed (the lost-update case)
    assert got[3]["n_points"] == want[3][2]
    hist = [(h["ts_ms"], h["event_id"]) for h in got[3]["history"]]
    assert (100_000, 400) in hist  # a chunk-3 point survived the reset


def test_rescore_drops_non_finite_points(spark, tmp_path):
    """Round 14 review fix: null/NaN-coordinate points are dropped at
    stream ENTRY. They used to accumulate in the stored history
    (collect_list was unfiltered) while scoring ignored them — and a
    user whose batch was ALL non-finite lost their entire update
    through the inner join against the NaN-filtered scoring output."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()
    nan = float("nan")
    dirty = [
        # user 1: one NaN-lat point amid its finite history
        (1, 190, 1_500, nan, 20.0, 30.0),
        # user 9: ONLY non-finite points — carries no location info,
        # must neither crash nor create a state row
        (9, 901, 1_000, nan, 25.0, 10.0),
        (9, 902, 2_000, 15.0, nan, 10.0),
    ]

    _write_chunk(spark, chunks[0] + dirty, src, "c1")
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = run_geotag_rescore_stream(
        stream, state, ckpt, history_cap=CAP, bucketed_min_bytes=0
    )
    assert q.awaitTermination(120)

    want = _fold([chunks[0]])
    got = {
        r["user_id"]: r for r in read_upsert_table(spark, state).collect()
    }
    assert 9 not in got  # all-invalid user: no state row, no crash
    assert got[1]["n_points"] == want[1][2]  # NaN point not counted
    hist_eids = [h["event_id"] for h in got[1]["history"]]
    assert 190 not in hist_eids  # ...and not accumulated in history


def test_rescore_reads_each_batch_once(spark, tmp_path):
    """Each trigger scans its micro-batch once: ``numInputRows`` equals
    the arrival file's row count on every trigger, including those
    that merge against stored state (the state semi-join keys and the
    history union share one evaluation of the batch)."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    chunks = _chunks()
    for i, c in enumerate(chunks):
        _write_chunk(spark, c, src, f"c{i}")
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = run_geotag_rescore_stream(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"), history_cap=CAP
    )
    assert q.awaitTermination(120)
    per_batch = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
    assert [per_batch[b] for b in sorted(per_batch)] == [len(c) for c in chunks]


def test_rescore_keeps_updates_after_older_duplicate(spark, tmp_path):
    """A batch that brings an older duplicate of the stored newest
    triple replaces that point (first occurrence wins), so the merged
    history's newest point falls below the stored record's version.
    The version is greatest(stored version, newest batch point), so
    that update and the next batch's one both reach the state."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    chunks = [
        [(1, 1, 1_000, 10.0, 20.0, 30.0), (1, 2, 2_000, 10.1, 20.1, 30.0)],
        # event 3 duplicates event 2's triple 500 ms earlier; event 4
        # is new but still older than event 2
        [(1, 3, 1_500, 10.1, 20.1, 30.0), (1, 4, 1_800, 10.2, 20.2, 30.0)],
        [(1, 5, 1_900, 10.3, 20.3, 30.0)],
    ]
    for i, c in enumerate(chunks):
        _write_chunk(spark, c, src, f"c{i}")
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    state = str(tmp_path / "state")
    q = run_geotag_rescore_stream(
        stream, state, str(tmp_path / "ckpt"), history_cap=CAP
    )
    assert q.awaitTermination(120)
    (r,) = read_upsert_table(spark, state).collect()
    hist = [(h["ts_ms"], h["event_id"]) for h in r["history"]]
    want = [(p[0], p[1]) for p in _fold(chunks)[1][3]]
    assert hist == want == [(1_000, 1), (1_500, 3), (1_800, 4), (1_900, 5)]
    assert (r["version"]["ts_ms"], r["version"]["event_id"]) == (2_000, 2)
