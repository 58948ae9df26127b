"""Unit tests for plans/timeseries.py and plans/curation.py beyond the
oracle-parity gate: as-of join edge semantics on hand-built frames,
rollup hierarchy exactness, decontamination flag properties, and
sample determinism."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import Row

from pulsar_spark_spark.plans import QUERIES
from pulsar_spark_spark.plans.timeseries import asof_backward_join
from tests.conftest import SF_DIR


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [
            Row(pid=1, k=1, lts=_ts("2024-01-01 10:00:00")),
            Row(pid=2, k=1, lts=_ts("2024-01-01 12:00:00")),
            Row(pid=3, k=2, lts=_ts("2024-01-01 09:00:00")),
        ]
    )
    right = spark.createDataFrame(
        [
            # k=1: one click before pid=1, one exactly AT pid=2's ts
            Row(rid=101, k=1, rts=_ts("2024-01-01 09:30:00"), v=1.0),
            Row(rid=102, k=1, rts=_ts("2024-01-01 12:00:00"), v=2.0),
            # same-ts tie inside the right side: larger rid wins
            Row(rid=103, k=1, rts=_ts("2024-01-01 09:30:00"), v=3.0),
            # k=2 has no click before 09:00
            Row(rid=201, k=2, rts=_ts("2024-01-01 09:30:00"), v=4.0),
        ]
    )
    return left, right


def test_asof_strict_excludes_same_ts_and_handles_ties(spark):
    left, right = _asof_fixture(spark)
    out = asof_backward_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["rid", "rts", "v"], strict=True,
    )
    rows = {r.pid: r for r in out.collect()}
    # pid=1: two clicks at 09:30 — the larger rid (103) wins the tie
    assert rows[1].rid == 103 and rows[1].v == 3.0
    # pid=2: the 12:00 click is NOT strictly prior; falls back to 09:30
    assert rows[2].rid == 103
    # pid=3: nothing prior → nulls
    assert rows[3].rid is None and rows[3].v is None


def test_asof_non_strict_includes_same_ts(spark):
    left, right = _asof_fixture(spark)
    out = asof_backward_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["rid", "rts", "v"], strict=False,
    )
    rows = {r.pid: r for r in out.collect()}
    # pid=2: the same-ts click now qualifies
    assert rows[2].rid == 102 and rows[2].v == 2.0


def test_asof_join_query_gap_is_positive(spark):
    out = QUERIES["events_asof_join"](spark, SF_DIR).toPandas()
    matched = out[out["gap_ms"].notna()]
    assert (matched["gap_ms"] > 0).all()  # strictly-prior contract
    assert (matched["click_ts"] < matched["purchase_ts"]).all()


def test_rollup_day_equals_reaggregated_hours(spark):
    """The hierarchy invariant: every day bucket equals the exact sum
    of its hour buckets (integer-cent state makes this bit-exact)."""
    pdf = QUERIES["event_rollup_multires"](spark, SF_DIR).toPandas()
    hours = pdf[pdf.resolution == "hour"].copy()
    days = pdf[pdf.resolution == "day"].copy()
    hours["day"] = hours["bucket_start"].dt.floor("D")
    re = (
        hours.groupby(["event_type", "day"], as_index=False)
        .agg(n_events=("n_events", "sum"), sum_value=("sum_value", "sum"))
    )
    merged = days.merge(
        re, left_on=["event_type", "bucket_start"], right_on=["event_type", "day"],
        suffixes=("", "_re"),
    )
    assert len(merged) == len(days)
    assert (merged["n_events"] == merged["n_events_re"]).all()
    assert (merged["sum_value"] - merged["sum_value_re"]).abs().max() < 1e-9


def test_decontamination_flags_planted_dup_not_benchmark(spark):
    from pulsar_spark_spark.plans.curation import _BENCH_MOD, doc_decontamination

    pdf = doc_decontamination(spark, SF_DIR).toPandas()
    # benchmark docs are never flagged (they are not corpus members)
    assert (pdf["doc_id"] % _BENCH_MOD != 0).all()
    # the fixture's planted near-copy of a benchmark doc dominates
    assert pdf["max_shared"].max() >= 20
    assert (pdf["n_bench_hits"] >= 1).all()


def test_stratified_sample_is_deterministic_and_keeps_small_strata(spark):
    from pulsar_spark_spark.plans.curation import _SAMPLE_TARGET, doc_stratified_sample

    a = doc_stratified_sample(spark, SF_DIR).toPandas()
    b = doc_stratified_sample(spark, SF_DIR).toPandas()
    assert a.equals(b)  # pure function of doc_id — no RNG state
    # strata at or under the target are kept whole (rate clamps to 1)
    small = a[a["n_stratum"] <= _SAMPLE_TARGET]
    kept = small.groupby(["source", "lang"]).size()
    totals = small.drop_duplicates(["source", "lang"]).set_index(
        ["source", "lang"]
    )["n_stratum"]
    assert (kept == totals.loc[kept.index]).all()
    # and the sample genuinely downsamples the big strata
    big = a[a["n_stratum"] > _SAMPLE_TARGET]
    if len(big):
        frac = len(big) / big.drop_duplicates(["source", "lang"])["n_stratum"].sum()
        assert frac < 1.0


def test_doc_curation_carries_both_stage_column_families(spark):
    """The round-8 merged registration must be exactly the full-outer
    join of its two stages: every decontamination row and every sample
    row appears once, with the other family null when absent."""
    from pulsar_spark_spark.plans.curation import (
        doc_decontamination,
        doc_stratified_sample,
    )

    merged = QUERIES["doc_curation"](spark, SF_DIR).toPandas()
    decon = doc_decontamination(spark, SF_DIR).toPandas()
    samp = doc_stratified_sample(spark, SF_DIR).toPandas()
    assert set(merged["doc_id"]) == set(decon["doc_id"]) | set(samp["doc_id"])
    d = merged[merged["n_bench_hits"].notna()]
    assert sorted(d["doc_id"]) == sorted(decon["doc_id"])
    m = merged.set_index("doc_id")
    assert (
        m.loc[sorted(decon["doc_id"]), "max_shared"].to_numpy()
        == decon.sort_values("doc_id")["max_shared"].to_numpy()
    ).all()
    s = merged[merged["n_stratum"].notna()]
    assert sorted(s["doc_id"]) == sorted(samp["doc_id"])


def test_decontamination_gate_bounds_grams_not_documents(
    spark, tmp_path, monkeypatch
):
    """The benchmark side's broadcast gate bounds the gram rows the
    footers imply, not the document count: two corpora of 50
    documents each, one of 12-word and one of 1,500-word documents.
    Under a 1,000-row bound the short corpus broadcasts straight from
    the footer estimate; the long one exceeds it and takes the
    counted guard."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_spark_spark.operators import checkpoint
    from pulsar_spark_spark.plans import curation

    rng = random.Random(8)
    vocab = [f"w{chr(97 + i)}{chr(97 + j)}" for i in range(26) for j in range(26)]
    counted = []
    real_guard = checkpoint.broadcast_if_bounded

    def spy(df, max_rows=5_000_000):
        counted.append(max_rows)
        return real_guard(df, max_rows)

    monkeypatch.setattr(checkpoint, "broadcast_if_bounded", spy)
    monkeypatch.setattr(
        curation, "_BENCH_BROADCAST_MAX_ROWS", 1_000, raising=False
    )
    for name, words in [("short", 12), ("long", 1_500)]:
        sf = tmp_path / name
        sf.mkdir()
        texts = [" ".join(rng.choices(vocab, k=words)) for _ in range(50)]
        pq.write_table(
            pa.table({
                "doc_id": list(range(50)),
                "text": texts,
                "lang": ["en"] * 50,
                "source": ["s"] * 50,
                "n_chars": [len(t) for t in texts],
            }),
            sf / "documents.parquet",
        )
        counted.clear()
        curation.doc_decontamination(spark, str(sf)).collect()
        assert counted == ([] if name == "short" else [1_000]), name
