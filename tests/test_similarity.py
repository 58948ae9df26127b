"""ANN recall gates: the approximate variants' tuning knobs are only
trustworthy if a measured recall floor guards them. Recall@10 is
computed against the exact brute-force baseline on the sf0.01
embeddings (500 × 64-dim; true neighbors are weakly similar — per-bit
SRP agreement ≈ 0.6 — so these floors exercise the hard regime)."""

from __future__ import annotations

import pytest

from pulsar_spark_spark.plans import QUERIES
from pulsar_spark_spark.plans.similarity import ivf_topk, lsh_topk
from pulsar_spark_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _topsets(rows):
    d: dict = {}
    for r in rows:
        d.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return d


@pytest.fixture(scope="module")
def exact(spark):
    return _topsets(QUERIES["ann_topk_bruteforce"](spark, SF_DIR).collect())


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


def _recall(rows, exact):
    approx = _topsets(rows)
    return sum(
        len(approx.get(q, set()) & s) / len(s) for q, s in exact.items()
    ) / len(exact)


def test_multiprobe_lifts_single_table_recall(spark, emb, exact):
    base = _recall(lsh_topk(emb).collect(), exact)
    mp = _recall(lsh_topk(emb, multiprobe=True).collect(), exact)
    assert mp >= 0.4  # measured 0.50
    assert mp > base  # probing Hamming-1 buckets must add candidates


def test_registered_lsh_recall_floor(spark, exact):
    # the REGISTERED ann_topk_lsh surface is the production config
    # (4 tables + multiprobe — independent hyperplane families
    # compound, 1-(1-p^k)^L); measured 0.96 at fixture scale. Gating
    # the registry entry itself means a knob regression in the
    # registered default cannot slip past this floor.
    r = _recall(QUERIES["ann_topk_lsh"](spark, SF_DIR).collect(), exact)
    assert r >= 0.9


def test_ivf_recall_floor_across_nprobe(spark, emb, exact):
    """The IVF recall/cost curve at the two operating points the docs
    advertise plus a headroom point (measured at fixture scale:
    nprobe=1 → 0.88, 2 → 0.90, 4 → 0.92 over 16 cells)."""
    r1 = _recall(ivf_topk(emb, n_probe=1).collect(), exact)
    r2 = _recall(ivf_topk(emb, n_probe=2).collect(), exact)
    r4 = _recall(ivf_topk(emb, n_probe=4).collect(), exact)
    assert r1 >= 0.8  # measured 0.88
    assert r2 >= 0.85  # measured 0.90 (the registered-query default)
    assert r2 >= r1 and r4 >= r2  # more probes can only add candidates


def test_ivf_index_build_and_probe(spark, emb, tmp_path):
    """The on-disk IVF layout must serve results identical to the
    in-memory ivf_topk at the same knobs, and the probe must reach the
    corpus as a partition-pruned scan (PartitionFilters on cell), not
    a full read."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.plans.similarity import (
        build_ivf_index,
        ivf_probe_index,
        ivf_topk,
    )

    index_dir = str(tmp_path / "ivf")
    build_ivf_index(emb, index_dir)
    queries = emb.filter(col("vec_id") < 5).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    served = ivf_probe_index(spark, index_dir, queries)
    want = [tuple(r) for r in ivf_topk(emb).collect()]
    assert [tuple(r) for r in served.collect()] == want

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "cell" in seg  # the probe cells prune at the scan


def test_lsh_bits_recall_tradeoff(spark, emb, exact):
    """The n_bits knob rule (fewer bits → bigger buckets → more
    candidates → higher recall, at linearly more cost) must hold on
    the fixture, so the documented sizing formula rests on a measured
    monotonic curve rather than an assumption."""
    from pulsar_spark_spark.plans.similarity import lsh_topk as _lsh

    r2 = _recall(_lsh(emb, n_bits=2).collect(), exact)
    r4 = _recall(_lsh(emb, n_bits=4).collect(), exact)
    r6 = _recall(_lsh(emb, n_bits=6).collect(), exact)
    assert r2 >= r4 >= r6
    assert r2 >= 0.3  # 2 bits ≈ quarter-corpus buckets


# ---------------------------------------------------------------------
# on-disk IVF index cache (round-7: registered query = serving shape)
# ---------------------------------------------------------------------
def test_registered_ivf_matches_in_memory_build(spark, tmp_path):
    """The cache-served registered query must return exactly the
    in-memory construction demo's rows."""
    from pulsar_spark_spark.plans import similarity as sim

    served = sim.ensure_ivf_index(spark, SF_DIR, index_root=str(tmp_path))
    emb = load_table(spark, "embeddings", SF_DIR)
    from pyspark.sql.functions import col

    queries = emb.filter(col("vec_id") < sim._N_QUERIES).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    got = [tuple(r) for r in sim.ivf_probe_index(spark, served, queries).collect()]
    want = [tuple(r) for r in ivf_topk(emb).collect()]
    assert got == want


def test_ivf_index_cache_reused_and_invalidated(spark, tmp_path, monkeypatch):
    """Second ensure with an unchanged corpus must NOT rebuild; a
    changed source fingerprint must."""
    from pulsar_spark_spark.plans import similarity as sim

    calls = []
    real_build = sim.build_ivf_index

    def counting_build(emb, index_dir, n_centroids=sim._N_CENTROIDS):
        calls.append(index_dir)
        real_build(emb, index_dir, n_centroids)

    monkeypatch.setattr(sim, "build_ivf_index", counting_build)
    root = str(tmp_path)
    idx1 = sim.ensure_ivf_index(spark, SF_DIR, index_root=root)
    assert len(calls) == 1
    idx2 = sim.ensure_ivf_index(spark, SF_DIR, index_root=root)
    assert idx2 == idx1 and len(calls) == 1  # cache hit, no rebuild
    # simulate a corpus change: perturb the recorded fingerprint
    import json, os

    meta = os.path.join(idx1, "_SOURCE.json")
    m = json.load(open(meta))
    next(iter(m["files"].values()))[0] += 1
    json.dump(m, open(meta, "w"))
    sim.ensure_ivf_index(spark, SF_DIR, index_root=root)
    assert len(calls) == 2  # stale fingerprint → rebuilt


def test_lsh_probe_index_matches_in_memory(spark, tmp_path, emb):
    """The on-disk LSH layout must serve exactly the in-memory
    lsh_topk results at the same knobs, via a partition-pruned scan."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.plans.similarity import (
        _LSH_TABLES,
        _N_QUERIES,
        build_lsh_index,
        lsh_probe_index,
    )

    idx = str(tmp_path / "lsh")
    build_lsh_index(emb, idx)
    queries = emb.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    got = [tuple(r) for r in lsh_probe_index(spark, idx, queries).collect()]
    want = [
        tuple(r)
        for r in lsh_topk(emb, multiprobe=True, n_tables=_LSH_TABLES).collect()
    ]
    assert got == want and got
    # pruning: the partition filter must reach the scan
    import contextlib, io

    df = lsh_probe_index(spark, idx, queries)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    # directory pruning is on the capped-width bucket PREFIX since the
    # adaptive-width layout fix (full-bucket dirs were a small-files
    # catastrophe at 12 bits); the exact bucket filter rides the scan's
    # data filters + row-group stats
    assert "bprefix" in seg, seg
    assert "PushedFilters" in plan and "bucket" in plan.split(
        "PushedFilters", 1
    )[1][:300], plan.split("PushedFilters", 1)[-1][:300]


# ---------------------------------------------------------------------
# embedding near-dup skew guards (round-8: exact collapse + multi-table
# banding + per-bucket cap — twin of tests/test_text.py's guard tests)
# ---------------------------------------------------------------------
def _copy_heavy_embeddings(spark, n_copies=500, n_distinct=30):
    """Adversarial shard: n_copies exact copies of one vector (the
    dedup target — identical embeddings) plus n_distinct random
    vectors (cos ≈ 0 pairwise, below the near-dup threshold)."""
    import numpy as np

    rng = np.random.default_rng(8)
    page = rng.standard_normal(64).astype("float32")
    rows = [(i, [float(x) for x in page]) for i in range(n_copies)]
    for j in range(n_distinct):
        v = rng.standard_normal(64).astype("float32")
        rows.append((n_copies + j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_auto_index_sizing_floors_at_gate_scale():
    """ANN index sizing must grow with the corpus (fixed 16 centroids
    / 4 bits are linear-probe shapes at 100 TB) while resolving to
    exactly the oracle-mirrored static config at the driver-gate
    corpus sizes."""
    from pulsar_spark_spark.plans.similarity import (
        auto_ivf_centroids,
        auto_lsh_bits,
    )

    assert auto_ivf_centroids(200) == 16  # sf0.001
    assert auto_ivf_centroids(2_000) == 16  # sf0.01 — oracle regime
    assert auto_ivf_centroids(20_000) == 50
    assert auto_ivf_centroids(2_000_000) == 500
    assert auto_lsh_bits(200) == 4
    assert auto_lsh_bits(2_000) == 4  # sf0.01 — oracle regime
    assert auto_lsh_bits(20_000) == 6
    assert auto_lsh_bits(2_000_000) == 12
    # multiprobe radius: the 4-bit oracle config keeps Hamming-1 (the
    # DuckDB oracle mirrors it); adaptive widths probe Hamming-2
    # (recall measured 0.96/1.00/0.80/1.00 at gate/10x/100x/1000x)
    from pulsar_spark_spark.plans.similarity import _multiprobe_radius

    assert _multiprobe_radius(4) == 1
    assert _multiprobe_radius(auto_lsh_bits(2_000)) == 1
    assert _multiprobe_radius(6) == 2
    assert _multiprobe_radius(12) == 2


def test_auto_emb_bits_scales_with_corpus():
    """Fixed 8-bit SRP saturates its 256-bucket space under the 64-row
    cap once uniques ≫ 8k (every bucket dropped — flat wall, zero
    recall). auto width keeps expected occupancy ~cap/2 and floors at
    8 so the sf0.01/sf0.001 oracle-gate corpora keep the static
    oracle-mirrored plan."""
    from pulsar_spark_spark.plans.similarity import auto_emb_bits

    assert auto_emb_bits(10) == 8
    assert auto_emb_bits(2_000) == 8  # sf0.01 gate regime
    assert auto_emb_bits(8_192) == 8  # exact threshold
    assert auto_emb_bits(8_193) == 9
    assert auto_emb_bits(200_000) == 13  # 100x corpus
    assert auto_emb_bits(2_000_000) == 16  # 1000x corpus
    # expected occupancy at the chosen width stays near cap/2
    assert 2_000_000 / 2 ** auto_emb_bits(2_000_000) <= 64


def test_emb_exact_dup_collapse_bounds_candidates(spark):
    """500 copies of one vector must contribute ONE banded
    representative and ONE (rep, rep) self-candidate — never 500²/2
    pairs through the bucket-join shuffle."""
    from pulsar_spark_spark.plans.similarity import emb_near_dup_candidates

    emb = _copy_heavy_embeddings(spark)
    keyed, reps, cand = emb_near_dup_candidates(emb)
    assert reps.count() == 31  # one rep per unique vector
    cands = [(r["rep_a"], r["rep_b"]) for r in cand.collect()]
    assert cands.count((0, 0)) == 1
    # total candidates bounded by unique-vector pairs, not row pairs
    assert len(cands) <= 31 * 30 // 2 + 1


def test_emb_exact_dup_fanout_emits_all_member_pairs(spark):
    """The collapse is an optimization, not a semantics change: every
    within-group pair must still come out, at cos_sim 1.0."""
    from pulsar_spark_spark.plans.similarity import emb_near_dup_pairs

    emb = _copy_heavy_embeddings(spark, n_copies=60, n_distinct=10)
    out = emb_near_dup_pairs(emb).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    want = {(a, b) for a in range(60) for b in range(a + 1, 60)}
    assert want <= pairs
    in_group = [r for r in out if r["vec_a"] < 60 and r["vec_b"] < 60]
    assert all(r["cos_sim"] == 1.0 for r in in_group)


def test_emb_bucket_cap_drops_hot_bucket(spark):
    """More than bucket_cap DISTINCT near-identical vectors in one
    (table, bucket) → the bucket is dropped from candidate generation
    (the boilerplate guard; near-identical ≠ identical, so the exact
    collapse alone cannot help here)."""
    import numpy as np

    from pulsar_spark_spark.plans.similarity import emb_near_dup_candidates

    rng = np.random.default_rng(9)
    base = rng.standard_normal(64).astype("float32") * 10.0
    rows = []
    for i in range(12):
        v = base.copy()
        v[0] += 0.001 * (i + 1)  # distinct but same SRP signs
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _, _, capped = emb_near_dup_candidates(emb, bucket_cap=2)
    _, _, uncapped = emb_near_dup_candidates(emb, bucket_cap=10_000)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert n_uncapped > 0  # near-identical vectors share buckets
    assert n_capped < n_uncapped  # the cap trims the hot buckets


def test_emb_clusters_rep_level_on_copy_heavy(spark):
    """Components over a copy-flooded corpus: the iterative CC graph
    sees ONE node for the 400-copy group (rep level), yet every member
    lands in the cluster with the min id as its label."""
    from pulsar_spark_spark.plans.similarity import (
        emb_components,
        emb_verified_rep_pairs,
    )

    emb = _copy_heavy_embeddings(spark, n_copies=400, n_distinct=20)
    _, _, verified = emb_verified_rep_pairs(emb)
    # the copy group enters the walk as a single self-pair node
    assert verified.filter("rep_a = 0 AND rep_b = 0").count() == 1
    comp = emb_components(emb).collect()
    got = {r["node"]: r["component"] for r in comp}
    assert {n for n, c in got.items() if c == 0} == set(range(400))


def test_lsh_probe_empty_query_set_returns_empty(spark, emb, tmp_path):
    """An empty queries frame is a legitimate serving input: the probe
    must return an empty result with the contract schema, not crash
    building a null partition filter."""
    from pulsar_spark_spark.plans.similarity import (
        build_lsh_index,
        lsh_probe_index,
    )

    index_dir = str(tmp_path / "lsh")
    build_lsh_index(emb, index_dir)
    out = lsh_probe_index(spark, index_dir, emb.limit(0).selectExpr(
        "vec_id AS query_id", "embedding AS q_emb"
    ))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "cos_sim",
    ]


def test_emb_pair_graph_incremental_equals_full_recompute(spark, tmp_path):
    """Round-8 stretch: three shard ingests into the persisted pair
    graph must yield the same member-level components as a from-
    scratch emb_components over the accumulated corpus, and replaying
    an already-committed shard must change nothing (version-gated
    reps fold)."""
    import numpy as np

    from pulsar_spark_spark.plans.similarity import (
        emb_components,
        read_emb_components,
        update_emb_pair_graph,
    )

    rng = np.random.default_rng(88)
    base_a = rng.standard_normal(64).astype("float32") * 10
    base_b = rng.standard_normal(64).astype("float32") * 10

    def near(base, eps):
        v = base.copy()
        v[0] += eps
        return [float(x) for x in v]

    rows = []
    # cluster A: copies + near-dups arriving across shards
    for i, eps in [(0, 0.0), (1, 0.0), (2, 0.01), (20, 0.0), (21, 0.02)]:
        rows.append((i, near(base_a, eps)))
    # cluster B: split across shards 2 and 3
    for i, eps in [(10, 0.0), (22, 0.01), (30, 0.0), (31, 0.03)]:
        rows.append((i, near(base_b, eps)))
    # noise vectors (pairwise cos ~ 0)
    for j in range(8):
        rows.append((40 + j, [float(x) for x in rng.standard_normal(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    store = str(tmp_path / "graph")
    prefix = "t_emb_graph"
    shards = [
        emb.filter("vec_id < 10"),
        emb.filter("vec_id >= 10 AND vec_id < 30"),
        emb.filter("vec_id >= 30"),
    ]
    try:
        for v, shard in enumerate(shards):
            update_emb_pair_graph(shard, store, version=v, table_prefix=prefix)

        got = {
            (r["node"], r["component"])
            for r in read_emb_components(spark, store, prefix).collect()
        }
        want = {
            (r["node"], r["component"])
            for r in emb_components(emb, bucket_cap=10_000).collect()
        }
        assert got == want and got
        # the two planted clusters resolved to their min ids
        comp = dict(got)
        assert comp[21] == 0 and comp[31] == 10

        # replay the last shard at its committed version: no-op
        update_emb_pair_graph(shards[2], store, version=2, table_prefix=prefix)
        again = {
            (r["node"], r["component"])
            for r in read_emb_components(spark, store, prefix).collect()
        }
        assert again == got
        from pulsar_spark_spark.sources.bucketed import read_log_bucketed

        reps = read_log_bucketed(
            spark, f"{prefix}_reps", store + "/reps", "vkey", "version"
        )
        n_members = reps.groupBy().sum("grp_n").first()[0]
        assert n_members == emb.count()  # grp_n never double-counted
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_emb_pair_graph_zero_norm_vectors_do_not_cluster(spark, tmp_path):
    """cos(0-vector, 0-vector) is NaN — the batch pipeline's verify
    filter rejects it, and the store's self-marks must apply the SAME
    gate (a divergence here would break store==batch parity)."""
    from pulsar_spark_spark.plans.similarity import (
        emb_components,
        read_emb_components,
        update_emb_pair_graph,
    )

    zeros = [0.0] * 64
    emb = spark.createDataFrame(
        [(0, zeros), (1, zeros), (2, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "g0")
    prefix = "t_emb_zero"
    try:
        update_emb_pair_graph(emb, store, version=0, table_prefix=prefix)
        got = set(map(tuple, read_emb_components(spark, store, prefix).collect()))
        want = set(map(tuple, emb_components(emb, bucket_cap=10_000).collect()))
        assert got == want == set()  # NaN never passes the gate
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_emb_pair_graph_crash_before_reps_fold_then_retry(spark, tmp_path):
    """The claimed crash contract, exercised: a shard whose ingest
    dies AFTER the pure-append writes but BEFORE the reps fold must,
    on whole-shard retry, converge to exactly the clean-ingest state
    (duplicate appends absorbed, grp_n folded once)."""
    from unittest import mock

    import pulsar_spark_spark.sources.bucketed as bkt
    from pulsar_spark_spark.plans.similarity import (
        read_emb_components,
        update_emb_pair_graph,
    )
    from pulsar_spark_spark.sources.bucketed import read_log_bucketed

    emb = _copy_heavy_embeddings(spark, n_copies=6, n_distinct=4)
    store = str(tmp_path / "gc")
    prefix = "t_emb_crash"
    try:
        update_emb_pair_graph(emb.filter("vec_id < 3"), store, 0, prefix)
        # shard 1 crashes on its 4th append (the reps fold)
        real_append = bkt.append_log_bucketed
        calls = {"n": 0}

        def dying_append(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 4:  # the reps fold is the 4th append
                raise RuntimeError("simulated crash before reps fold")
            return real_append(*a, **kw)

        shard1 = emb.filter("vec_id >= 3")
        with mock.patch.object(bkt, "append_log_bucketed", dying_append):
            import pytest as _pytest

            with _pytest.raises(RuntimeError, match="simulated crash"):
                update_emb_pair_graph(shard1, store, 1, prefix)
        # whole-shard retry
        update_emb_pair_graph(shard1, store, 1, prefix)
        comp = {r["node"]: r["component"] for r in read_emb_components(
            spark, store, prefix
        ).collect()}
        assert {n for n, c in comp.items() if c == 0} == set(range(6))
        reps = read_log_bucketed(
            spark, f"{prefix}_reps", store + "/reps", "vkey", "version"
        )
        assert reps.groupBy().sum("grp_n").first()[0] == emb.count()
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_emb_pair_graph_rebanding_compaction(spark, tmp_path):
    """Round-9 width migration: a store that accumulates enough unique
    vectors to outgrow its pinned SRP width must (a) WARN on the next
    ingest, (b) re-band via compact_emb_pair_graph at the adaptive
    width — measurably dropping the stored-side candidate fan-in the
    per-shard join cost scales with — while (c) serving EXACTLY the
    same components immediately after compaction as before it
    (verified history is banding-independent), and (d) new shards
    keep finding their near-dups through the re-banded store side.

    Random dim-64 gaussians produce many genuine pairs above the 0.35
    verify threshold, so component labels here are data-dependent —
    assertions are relative (same-cluster), never absolute ids; the
    exact store==batch parity across a migration is pinned separately
    on a borderline-free corpus below."""
    import numpy as np
    import pytest

    import pulsar_spark_spark.plans.similarity as S
    from pulsar_spark_spark.sources.bucketed import read_log_bucketed
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    rng = np.random.default_rng(99)
    dim = 64
    n_per_shard, n_shards = 3200, 3  # 9600 uniques > 2^8 * cap/2 = 8192

    vecs = rng.standard_normal((n_per_shard * n_shards, dim)).astype("float32")
    # a planted ultra-near cluster (cos ≈ 0.99998 — candidate at ANY
    # width with overwhelming probability across the 4 tables)
    base = rng.standard_normal(dim).astype("float32") * 10
    for i in (2, 3, 4, 5):  # distinct perturbations — all stay unique
        vecs[i] = base + (i - 2) * 0.01 * np.eye(dim, dtype="float32")[0]

    import pandas as pd

    def make_df(ids, rows):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in rows]}),
            "vec_id long, embedding array<float>",
        )

    store = str(tmp_path / "graph9")
    prefix = "t_emb_reband"

    def cand_fanin(probe_vecs):
        """Stored-side candidate fan-in for a fixed probe batch at the
        store's CURRENT width — the quantity update_emb_pair_graph's
        bucket join pays per new vector."""
        meta = S._read_graph_meta(store)
        tbl, path = S._banded_loc(store, prefix, meta["banded_gen"])
        stored = read_log_bucketed(spark, tbl, path, ["vkey", "tbl"], "version")
        pb = (
            make_df(list(range(len(probe_vecs))), probe_vecs)
            .select(F.explode(S._emb_tables_expr(meta["n_tables"], meta["n_bits"])).alias("tb"))
            .select(col("tb.tbl").alias("tbl"), col("tb.bucket").alias("bucket"))
        )
        return pb.join(stored.select("tbl", "bucket"), ["tbl", "bucket"]).count()

    try:
        # auto_compact=False throughout the setup: this test pins the
        # round-9 MANUAL runbook path (warn → operator compaction);
        # the round-10 auto trigger is pinned separately below
        for s in range(n_shards):
            ids = list(range(s * n_per_shard, (s + 1) * n_per_shard))
            S.update_emb_pair_graph(
                make_df(ids, vecs[ids[0] : ids[-1] + 1]), store, version=s,
                table_prefix=prefix, auto_compact=False,
            )
        meta = S._read_graph_meta(store)
        assert meta == {
            "n_tables": 4, "n_bits": 8, "banded_gen": 0, "n_unique": 9600,
        }

        # (a) the occupancy guard fires on the next ingest
        extra_noise = rng.standard_normal((1, dim)).astype("float32")
        with pytest.warns(UserWarning, match="outgrow"):
            S.update_emb_pair_graph(
                make_df([9600], extra_noise), store, version=3,
                table_prefix=prefix, auto_compact=False,
            )

        # explicit width mismatching the store is refused
        with pytest.raises(ValueError, match="banded at 8 bits"):
            S.update_emb_pair_graph(
                make_df([9601], extra_noise), store, version=4,
                table_prefix=prefix, n_bits=9,
            )

        probe = rng.standard_normal((100, dim)).astype("float32")
        fanin_before = cand_fanin(probe)
        stats_before = S.emb_graph_stats(spark, store, prefix)
        assert stats_before["n_bits"] == 8
        comps_before = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }

        # (b) compaction re-bands at the adaptive width
        new_meta = S.compact_emb_pair_graph(spark, store, prefix)
        assert new_meta["n_bits"] == 9 and new_meta["banded_gen"] == 1
        assert new_meta["n_unique"] == 9601
        stats_after = S.emb_graph_stats(spark, store, prefix)
        fanin_after = cand_fanin(probe)
        # twice the buckets → ~half the stored-side fan-in per probe
        assert fanin_after < fanin_before * 0.7, (fanin_before, fanin_after)
        assert stats_after["mean_bucket"] < stats_before["mean_bucket"] * 0.7

        # (c) re-banding must not change the SERVED relation at all —
        # pairs are verified truth, keyed/reps are width-independent
        comps_after = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        assert comps_after == comps_before and comps_before

        # (d) post-migration ingest: a near-dup of shard-0's planted
        # base joins ITS cluster through the RE-BANDED store side
        joiner = base + 0.04 * np.eye(dim, dtype="float32")[0]
        S.update_emb_pair_graph(
            make_df([9700], joiner[None, :]), store, version=5, table_prefix=prefix
        )
        comp = {
            r["node"]: r["component"]
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        assert comp[9700] == comp[2] == comp[3] == comp[4] == comp[5]
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_emb_pair_graph_auto_compact_rebands_on_ingest(spark, tmp_path):
    """Round-10: with the default ``auto_compact=True``, an ingest that
    pushes the accumulated unique count past the width boundary
    re-bands the store by ITSELF (no operator runbook): the meta
    advances a banded generation at the adaptive width, the mean
    bucket occupancy (what the per-shard candidate join scales with)
    drops ~2×, and the served graph keeps working — a post-reband
    near-dup still joins its cluster through the re-banded store."""
    import numpy as np
    import pandas as pd

    import pulsar_spark_spark.plans.similarity as S

    rng = np.random.default_rng(1010)
    dim = 64

    def make_df(ids, rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, v)) for v in rows]}
            ),
            "vec_id long, embedding array<float>",
        )

    store = str(tmp_path / "graph10")
    prefix = "t_emb_autoc"
    vecs = rng.standard_normal((9000, dim)).astype("float32")
    base = rng.standard_normal(dim).astype("float32") * 10
    vecs[7] = base  # planted anchor for the post-reband join check

    try:
        # setup: one shard below no trigger... 9000 > 8192 boundary, so
        # suppress the trigger explicitly to stage the outgrown state
        S.update_emb_pair_graph(
            make_df(list(range(9000)), vecs), store, version=0,
            table_prefix=prefix, auto_compact=False,
        )
        meta = S._read_graph_meta(store)
        assert (meta["n_bits"], meta["banded_gen"]) == (8, 0)
        occ_before = S.emb_graph_stats(spark, store, prefix)["mean_bucket"]

        # DEFAULT ingest: commits the shard, then auto-rebands
        extra = rng.standard_normal((5, dim)).astype("float32")
        S.update_emb_pair_graph(
            make_df(list(range(9000, 9005)), extra), store, version=1,
            table_prefix=prefix,
        )
        meta = S._read_graph_meta(store)
        assert (meta["n_bits"], meta["banded_gen"]) == (9, 1)
        assert meta["n_unique"] == 9005  # compaction recounts exactly
        occ_after = S.emb_graph_stats(spark, store, prefix)["mean_bucket"]
        assert occ_after < occ_before * 0.7, (occ_before, occ_after)

        # at the new width no further trigger fires, and serving holds:
        # a near-dup of the planted anchor joins its cluster through
        # the re-banded store side
        joiner = base + 0.03 * np.eye(dim, dtype="float32")[0]
        S.update_emb_pair_graph(
            make_df([9100], joiner[None, :]), store, version=2,
            table_prefix=prefix,
        )
        meta = S._read_graph_meta(store)
        assert (meta["n_bits"], meta["banded_gen"]) == (9, 1)
        comp = {
            r["node"]: r["component"]
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        assert comp[9100] == comp[7]
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_emb_pair_graph_migration_parity_on_borderline_free_corpus(spark, tmp_path):
    """Exact store == batch parity ACROSS a width migration: when no
    cross-vector cosine sits near the 0.35 verify threshold (all
    pairs ≈ 1 or ≪ 0.35 — asserted numpy-side first), the candidate
    width cannot change the verified set, so a store that ingested at
    8 bits, was force-re-banded to 9, and ingested again must serve
    exactly the components a from-scratch emb_components finds — at
    EITHER width."""
    import numpy as np
    import pandas as pd

    import pulsar_spark_spark.plans.similarity as S

    rng = np.random.default_rng(12)
    dim = 64
    vecs = rng.standard_normal((15, dim)).astype("float32")
    base_a = rng.standard_normal(dim).astype("float32") * 10
    base_b = rng.standard_normal(dim).astype("float32") * 10
    e0 = np.eye(dim, dtype="float32")[0]
    for i, eps in [(0, 0.0), (1, 0.01), (2, 0.02)]:  # cluster A
        vecs[i] = base_a + eps * e0
    for i, eps in [(3, 0.0), (4, 0.01)]:  # cluster B
        vecs[i] = base_b + eps * e0
    # precondition: the corpus is borderline-free (width-independent)
    n = vecs / np.linalg.norm(vecs.astype("float64"), axis=1, keepdims=True)
    sims = np.abs(n @ n.T)
    planted = {(a, b) for a in (0, 1, 2) for b in (0, 1, 2)} | {
        (a, b) for a in (3, 4) for b in (3, 4)
    }
    off = [sims[i, j] for i in range(15) for j in range(15)
           if i != j and (i, j) not in planted]
    assert max(off) < 0.3, max(off)

    def make_df(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, vecs[i])) for i in ids]}
            ),
            "vec_id long, embedding array<float>",
        )

    store = str(tmp_path / "gmig")
    prefix = "t_emb_mig"
    shard0 = [0, 1, 3, 5, 6, 7, 8, 9, 10, 11]
    shard1 = [2, 4, 12, 13, 14]  # cluster members arrive POST-migration
    try:
        S.update_emb_pair_graph(make_df(shard0), store, version=0, table_prefix=prefix)
        meta = S.compact_emb_pair_graph(spark, store, prefix, n_bits=9)
        assert meta["n_bits"] == 9 and meta["banded_gen"] == 1
        S.update_emb_pair_graph(make_df(shard1), store, version=1, table_prefix=prefix)

        got = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        full = make_df(list(range(15)))
        want9 = {
            (r["node"], r["component"])
            for r in S.emb_components(full, n_bits=9, bucket_cap=10_000).collect()
        }
        want8 = {
            (r["node"], r["component"])
            for r in S.emb_components(full, n_bits=8, bucket_cap=10_000).collect()
        }
        assert want9 == want8  # the width-independence this test relies on
        assert got == want9
        comp = dict(got)
        assert comp[2] == 0 and comp[4] == 3  # cross-migration joins landed
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ensure_index_cache_hit_runs_no_corpus_scan(spark, tmp_path, monkeypatch):
    """Round-9 claw-back pin: on a warm index cache, ensure_ivf_index /
    ensure_lsh_index must resolve their adaptive knobs WITHOUT any
    corpus access — round 8 paid a full df.count() per call (before
    the fingerprint check), a measured chunk of the ANN bench
    regression. _corpus_rows reads parquet footers and memoizes per
    source fingerprint; the corpus table loader must not be touched
    at all on the hit path."""
    from pulsar_spark_spark.plans import similarity as sim
    from tests.conftest import SF_DIR

    root = str(tmp_path)
    idx_i = sim.ensure_ivf_index(spark, SF_DIR, index_root=root)  # build
    idx_l = sim.ensure_lsh_index(spark, SF_DIR, index_root=root)

    def poisoned(*a, **kw):
        raise AssertionError("corpus scan on the ensure hit path")

    monkeypatch.setattr(sim, "load_table", poisoned)
    assert sim.ensure_ivf_index(spark, SF_DIR, index_root=root) == idx_i
    assert sim.ensure_lsh_index(spark, SF_DIR, index_root=root) == idx_l


def test_corpus_rows_footer_count_matches_and_invalidates(spark, tmp_path):
    """_corpus_rows (footer sum) must equal the real row count and
    re-resolve when the fileset is regenerated in place (fingerprint
    includes size+mtime)."""
    import os
    import time as _time

    from pulsar_spark_spark.plans import similarity as sim

    df = spark.range(123).selectExpr("id as vec_id", "array(1.0f) as embedding")
    d = str(tmp_path / "corp")
    df.coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    assert sim._corpus_rows(d) == 123
    _time.sleep(0.01)
    spark.range(45).selectExpr(
        "id as vec_id", "array(1.0f) as embedding"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    assert sim._corpus_rows(d) == 45  # stat change invalidates the memo


def test_compact_emb_pair_graph_crash_leaves_old_generation_live(spark, tmp_path, monkeypatch):
    """The meta install is compaction's commit point: a compaction
    that dies AFTER writing the new banded generation but BEFORE the
    meta install must leave the store serving from the OLD generation
    (ingest still works at the old width), and the next compaction
    must clear the orphan and commit cleanly."""
    import os

    import pytest

    import pulsar_spark_spark.plans.similarity as S

    emb = _copy_heavy_embeddings(spark, n_copies=4, n_distinct=6)
    store = str(tmp_path / "gcrash")
    prefix = "t_emb_cpcrash"
    try:
        S.update_emb_pair_graph(emb.filter("vec_id < 12"), store, 0, prefix)
        before = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }

        real_write = S._write_graph_meta

        def dying_write(store_dir, meta):
            if meta.get("banded_gen", 0) > 0:  # the re-band commit
                raise RuntimeError("simulated crash before meta install")
            real_write(store_dir, meta)

        monkeypatch.setattr(S, "_write_graph_meta", dying_write)
        with pytest.raises(RuntimeError, match="simulated crash"):
            S.compact_emb_pair_graph(spark, store, prefix, n_bits=9)
        monkeypatch.setattr(S, "_write_graph_meta", real_write)

        # old generation still authoritative: meta unchanged, ingest
        # and serving work, orphan dir exists on disk
        meta = S._read_graph_meta(store)
        assert meta["n_bits"] == 8 and meta["banded_gen"] == 0
        assert os.path.exists(os.path.join(store, "banded_g1"))
        S.update_emb_pair_graph(emb.filter("vec_id >= 12"), store, 1, prefix)
        mid = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        assert mid >= before and mid

        # retry: clears the orphan, commits generation 1 at 9 bits
        new_meta = S.compact_emb_pair_graph(spark, store, prefix, n_bits=9)
        assert new_meta["n_bits"] == 9 and new_meta["banded_gen"] == 1
        after = {
            (r["node"], r["component"])
            for r in S.read_emb_components(spark, store, prefix).collect()
        }
        assert after == mid
        assert not os.path.exists(os.path.join(store, "banded"))  # old gen swept
    finally:
        for t in [r["tableName"] for r in spark.sql("SHOW TABLES").collect()]:
            if t.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def _noise_copy_corpus(spark, n_base=300, n_planted=60, dim=64, eps=0.3):
    """Seeded corpus: n_base random unit-ish vectors plus noise copies
    of the first n_planted at cos = 1/sqrt(1+eps^2) ≈ 0.958 — genuine
    near-dups (no exact-collapse shortcut). Returns (df, planted_pairs)."""
    import numpy as np

    rng = np.random.default_rng(4711)
    base = rng.standard_normal((n_base, dim))
    src = base[:n_planted]
    g = rng.standard_normal((n_planted, dim))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    copies = src + eps * np.linalg.norm(src, axis=1, keepdims=True) * g
    rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(base)
    ] + [
        (n_base + i, [float(x) for x in v]) for i, v in enumerate(copies)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {(i, n_base + i) for i in range(n_planted)}
    return df, planted


def test_emb_multiprobe_superset_and_recall_lift(spark):
    """Round 11: the opt-in Hamming-1 multiprobe knob. Candidates (and
    therefore verified pairs — verification is exact either way) are a
    SUPERSET of the exact-bucket arm's, and on a genuine near-dup
    corpus (cos ≈ 0.958, below the exact-collapse shortcut) the
    planted-pair recall rises to ~the closed-form Hamming-1 value
    (≈ 0.999 at 8 bits / 4 tables vs ≈ 0.91 exact-bucket)."""
    from pulsar_spark_spark.plans import similarity as sim

    df, planted = _noise_copy_corpus(spark)
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in sim.emb_near_dup_pairs(df, n_bits=8).collect()
    }
    probed = {
        (r["vec_a"], r["vec_b"])
        for r in sim.emb_near_dup_pairs(df, n_bits=8, multiprobe=True).collect()
    }
    assert exact <= probed
    rec_exact = len(planted & exact) / len(planted)
    rec_probed = len(planted & probed) / len(planted)
    assert rec_probed >= rec_exact
    assert rec_probed >= 0.95, (rec_exact, rec_probed)


def test_emb_pair_graph_multiprobe_superset(spark, tmp_path):
    """The store twin of the multiprobe knob: same shards ingested
    into two stores, the multiprobe arm's member pairs are a superset
    with at least the exact arm's planted recall."""
    from pulsar_spark_spark.plans import similarity as sim
    from pyspark.sql.functions import col

    df, planted = _noise_copy_corpus(spark)
    pairs = {}
    for arm, mp in (("exact", False), ("probed", True)):
        store = str(tmp_path / f"store_{arm}")
        for k, (lo, hi) in enumerate([(0, 180), (180, 360)]):
            batch = df.filter((col("vec_id") >= lo) & (col("vec_id") < hi))
            sim.update_emb_pair_graph(
                batch, store, version=k, n_bits=8, multiprobe=mp
            )
        pairs[arm] = {
            (r["vec_a"], r["vec_b"])
            for r in sim.read_emb_member_pairs(spark, store).collect()
        }
    assert pairs["exact"] <= pairs["probed"]
    assert len(planted & pairs["probed"]) >= len(planted & pairs["exact"])
    assert len(planted & pairs["probed"]) / len(planted) >= 0.95


def test_emb_banding_handles_nonconforming_dim(spark):
    """Round 11 regression: vectors whose dimensionality differs from
    _EMB_DIM used to NULL-poison the SRP fold (zip_with pads with
    NULL) — every bucket collapsed to the all-'0' key and the pipeline
    silently returned zero pairs. The coalesced fold projects onto the
    first min(dim, _EMB_DIM) hyperplane components instead, so a
    16-dim corpus bands normally and finds its planted near-dups."""
    from pulsar_spark_spark.plans import similarity as sim

    df, planted = _noise_copy_corpus(spark, dim=16)
    probed = {
        (r["vec_a"], r["vec_b"])
        for r in sim.emb_near_dup_pairs(
            df, n_bits=8, multiprobe=True
        ).collect()
    }
    assert len(probed) > 0
    assert len(planted & probed) / len(planted) >= 0.9


def test_srp_banding_recall_ladder_and_auto_multiprobe():
    """Round 12 (VERDICT wrong #3): the closed-form recall ladder is
    pinned against the round-11 MEASURED compaction-experiment numbers
    (SCALE.md — 0.7772 exact / 0.9908 multiprobe at 12 bits × 4
    tables, cos 0.958), and the new multiprobe=None auto heuristic
    keeps every gate/bench width (the 8-bit floor) on the exact-bucket
    arm while flipping the silent-0.78 adaptive widths to probing."""
    from pulsar_spark_spark.plans.similarity import (
        _resolve_multiprobe,
        auto_emb_bits,
        srp_banding_recall,
    )

    from pulsar_spark_spark.plans.similarity import _EMB_TABLES

    # the public default table count is resolved from the engine's
    # actual constant at call time, never a duplicated literal
    # (round 13 ADVICE low)
    assert srp_banding_recall(0.95, 12) == srp_banding_recall(
        0.95, 12, _EMB_TABLES
    )
    # closed form vs measured (three-decimal agreement was the
    # round-11 validation)
    assert abs(srp_banding_recall(0.958, 12, 4) - 0.7772) < 0.005
    assert abs(srp_banding_recall(0.958, 12, 4, multiprobe=True) - 0.9908) < 0.005
    # ladder is monotone: wider buckets lose recall, probing regains it
    for b in range(8, 14):
        assert srp_banding_recall(0.95, b + 1, 4) < srp_banding_recall(0.95, b, 4)
        assert srp_banding_recall(0.95, b, 4, multiprobe=True) > srp_banding_recall(0.95, b, 4)
    # auto: the fixed 8-bit floor (every gate/bench corpus — unique
    # counts below 2^8*cap/2) stays exact-bucket; adaptive widths
    # from 10 bits up flip to multiprobe
    assert auto_emb_bits(2_000) == 8
    assert _resolve_multiprobe(None, 8, 4) is False
    assert _resolve_multiprobe(None, 10, 4) is True
    assert _resolve_multiprobe(None, 13, 4) is True
    # explicit pins always win
    assert _resolve_multiprobe(False, 13, 4) is False
    assert _resolve_multiprobe(True, 8, 4) is True
    # round 13 (r12 VERDICT wrong #2): the corpus-aware skip — a
    # replica-dominated corpus (collapse rate >= 0.5) stays
    # exact-bucket even at adaptive widths (its high-sim mass is
    # collapse-arm signal; probing was measured at 6.3x candidate
    # volume for zero recall gain on sf100, collapse ~0.9)...
    assert _resolve_multiprobe(None, 13, 4, collapse_rate=0.9) is False
    assert _resolve_multiprobe(None, 13, 4, collapse_rate=0.5) is False
    # ...while distinct-heavy corpora keep the recall rescue, and an
    # explicit True still forces probing on replica-heavy ones
    assert _resolve_multiprobe(None, 13, 4, collapse_rate=0.1) is True
    assert _resolve_multiprobe(True, 13, 4, collapse_rate=0.9) is True
    # the collapse probe must never flip the floor-width decision
    assert _resolve_multiprobe(None, 8, 4, collapse_rate=0.0) is False


def test_registered_emb_queries_stay_exact_bucket_at_gate_width(spark):
    """The auto heuristic must not change the oracle-mirrored plan:
    at the gate corpus the registered query's output is identical to
    an explicit multiprobe=False run."""
    from pulsar_spark_spark.plans.similarity import emb_near_dup_pairs
    from pulsar_spark_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    auto = {
        (r["vec_a"], r["vec_b"])
        for r in emb_near_dup_pairs(emb).select("vec_a", "vec_b").collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in emb_near_dup_pairs(emb, multiprobe=False)
        .select("vec_a", "vec_b")
        .collect()
    }
    assert auto == exact and len(auto) > 0


def test_emb_collapse_rate_and_shared_stats_scan(spark):
    """Round 13: emb_collapse_rate reads the same memoized single-scan
    stats as the adaptive width — ~0 on the all-distinct fixture, ~0.9
    on a replica-dominated relation."""
    import pyspark.sql.functions as F

    from pulsar_spark_spark.plans.similarity import (
        _emb_corpus_stats,
        emb_collapse_rate,
        resolve_emb_bits,
    )
    from pulsar_spark_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    n_rows, n_unique = _emb_corpus_stats(emb)
    assert n_rows > 0 and n_unique > 0
    # all-distinct fixture: HLL ±10% still keeps the rate far below
    # the 0.5 skip threshold
    assert emb_collapse_rate(emb) < 0.2
    # the width resolve consumes the same stats (memo hit, no rescan)
    assert resolve_emb_bits(emb, None) >= 8

    dup = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 20).cast("float") + i for i in range(4)])
        .alias("embedding"),
    )
    rate = emb_collapse_rate(dup)
    assert 0.85 <= rate <= 0.95, rate  # 200 rows, 20 uniques


def test_collapse_rate_boundary_escalates_to_exact(spark, monkeypatch):
    """Round 14 (r13 ADVICE): near the hard 0.5 multiprobe-skip
    threshold the collapse rate escalates to an exact distinct count
    (deterministic arm choice); far from it the cheap HLL estimate
    decides alone."""
    import pyspark.sql.functions as F

    import pulsar_spark_spark.plans.similarity as S

    # exactly at the threshold: 200 rows, 100 uniques -> rate 0.5
    half = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 100).cast("float") + i for i in range(4)])
        .alias("embedding"),
    )
    assert S.emb_collapse_rate(half) == 0.5
    # far from the threshold: the exact arm must NOT run
    def boom(_):
        raise AssertionError("exact countDistinct ran off the boundary")

    monkeypatch.setattr(S, "_emb_exact_unique", boom)
    S._EMB_STATS_MEMO.clear()
    distinct = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.col("id").cast("float") * 7 + i for i in range(4)])
        .alias("embedding"),
    )
    assert S.emb_collapse_rate(distinct) < 0.2


def test_corpus_stats_memo_not_poisoned_by_filtered_relation(spark):
    """Round 14 review fix: the corpus-stats memo key includes a
    normalized-logical-plan digest, not just the input fileset — a
    filtered subset over the same parquet files used to poison the
    full corpus's (n_rows, n_unique), and a poisoned unique count
    resolves a too-narrow adaptive width whose bucket cap silently
    collapses near-dup recall to the exact-duplicate arm."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.plans.similarity import _emb_corpus_stats
    from pulsar_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_SMALL

    emb = load_table(spark, "embeddings", SF_DIR_SMALL)
    subset = emb.filter(col("vec_id") < 50)
    n_sub = _emb_corpus_stats(subset)[0]
    n_full = _emb_corpus_stats(emb)[0]
    assert n_sub == 50
    assert n_full == emb.count() and n_full > n_sub
    # and two independent loads of the SAME relation share the entry
    # (the memo's purpose): same key, not merely same values
    from pulsar_spark_spark.plans.similarity import _emb_stats_key

    again = load_table(spark, "embeddings", SF_DIR_SMALL)
    assert _emb_stats_key(again) == _emb_stats_key(emb)
    assert _emb_stats_key(subset) != _emb_stats_key(emb)
